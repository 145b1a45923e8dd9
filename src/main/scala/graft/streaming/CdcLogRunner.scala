package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.{Ledger, Position}
import graft.operators.MergeOps
import graft.pkg.PackageWriter

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
  * payload. Each unit then reads the log with a contiguous `txCol`
  * range predicate, which reaches the parquet scan (row-group pruning
  * on txCol min/max; on a time/tx-partitioned log, partition pruning).
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

  def planUnits(log: DataFrame, txCol: String, policy: Settlement.Policy,
      bytesCol: Option[String] = None, fallbackBytesPerOp: Long = 64L,
      budget: PlanBudget = PlanBudget()): Seq[UnitPlan] =
    packPlans(txnSummaries(log, txCol, bytesCol, fallbackBytesPerOp, budget), policy)

  /** Policy that yields ~`targetUnits` units for this log (op-ceiling
    * split of the observed total; byte ceiling effectively off). Used
    * by the catalog query so unit count stays flat across scale
    * factors. */
  def policyForTargetUnits(totalOps: Long, targetUnits: Int): Settlement.Policy =
    Settlement.Policy(math.max(1L, (totalOps + targetUnits - 1) / targetUnits).toInt, Long.MaxValue)

  private def scope(resource: String): String = s"cdc:$resource"

  /** Deliver every unit past the committed cursor. `killAfterUnits`
    * simulates a crash for the chaos spec: the runner stops cold after
    * N successful unit commits. Returns results for units delivered in
    * THIS call. */
  def drain(log: DataFrame, txCol: String, outDir: String, ledger: Ledger,
      resource: String, plans: Seq[UnitPlan],
      killAfterUnits: Option[Int] = None): Seq[UnitResult] = {
    val spark = log.sparkSession
    val resumeTx = ledger.resumePosition(resource, scope(resource)) match {
      case Some(Position.Cursor(f, v)) =>
        require(f == txCol, s"cursor field $f does not match tx column $txCol"); v
      case Some(other) => throw new IllegalStateException(s"unexpected position kind ${other.kind}")
      case None => Long.MinValue
    }
    val results = Seq.newBuilder[UnitResult]
    var delivered = 0
    plans.iterator
      .filter(_.toTx > resumeTx) // exactly-once: committed units never re-deliver
      .takeWhile(_ => killAfterUnits.forall(delivered < _))
      .foreach { u =>
        val slice = log.filter(col(txCol) >= u.fromTx && col(txCol) <= u.toTx)
        val pkgDir = s"$outDir/unit_${u.unitId}"
        val pkg = PackageWriter.write(slice, None, pkgDir, resource,
          planHash = s"cdc-unit-${u.unitId}:${u.fromTx}-${u.toTx}")
        DrainEpoch.settle(ledger, resource, scope(resource), pkg,
          PackageWriter.readBack(spark, pkg),
          Some(Position.Cursor(txCol, u.toTx)), s"cdc unit ${u.unitId}")
        results += UnitResult(u.unitId, u.fromTx, u.toTx, pkg.rows, pkg.packageHash)
        delivered += 1
      }
    results.result()
  }

  /** Bounded-backfill drain: ONE pass over the log (the repo's
    * one-source-scan law) instead of one filtered scan per unit. A
    * single dynamic-partition write lands every undelivered unit's
    * data; ONE grouped aggregation computes every unit's row count +
    * content hash + stats (the segment-stats manifest); then units
    * settle through the ledger in commit order, each verified by an
    * independent probe of its (tiny) package dir. Committed units'
    * directories are untouched (dynamic overwrite only rewrites
    * partitions present in the write). The sequential [[drain]] stays
    * for true streaming delivery; this is the shape a 100 TB backfill
    * wants. */
  def drainBulk(log: DataFrame, txCol: String, outDir: String, ledger: Ledger,
      resource: String, plans: Seq[UnitPlan],
      killAfterUnits: Option[Int] = None): Seq[UnitResult] = {
    val spark = log.sparkSession
    val resumeTx = ledger.resumePosition(resource, scope(resource)) match {
      case Some(Position.Cursor(f, v)) =>
        require(f == txCol, s"cursor field $f does not match tx column $txCol"); v
      case Some(other) => throw new IllegalStateException(s"unexpected position kind ${other.kind}")
      case None => Long.MinValue
    }
    val todo = plans.filter(_.toTx > resumeTx)
    if (todo.isEmpty) return Seq.empty

    // unit assignment: contiguous tx ranges → one CASE chain, stays in
    // whole-stage codegen with the scan
    val unitCol = todo.tail.foldLeft(
      when(col(txCol) <= todo.head.toTx, lit(todo.head.unitId))) { (acc, u) =>
      acc.when(col(txCol) <= u.toTx, lit(u.unitId))
    }
    val unitsRoot = s"$outDir/units"
    log.filter(col(txCol) >= todo.head.fromTx && col(txCol) <= todo.last.toTx)
      .withColumn("__unit", unitCol)
      .write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("__unit")
      .parquet(unitsRoot)

    // ONE grouped aggregation: per-unit row count + content hash + the
    // full column-stats profile (receipt inputs and the segment-stats
    // manifest come out of the same pass)
    def groupedCountHashStats(withStats: Boolean) = {
      val written = spark.read.parquet(unitsRoot)
        .filter(col("__unit").isin(todo.map(_.unitId): _*))
      val dataCols = written.columns.filterNot(_ == "__unit").toSeq
      val statAggs =
        if (withStats) graft.operators.StatsOps.statsAggs(dataCols) else Seq.empty
      val agg = written
        .groupBy("__unit")
        .agg(count(lit(1)).as("__rows"),
          (sum(PackageWriter.rowHash(dataCols)).as("__hash_sum") +: statAggs): _*)
      (agg, dataCols)
    }
    val (fused, dataCols) = groupedCountHashStats(withStats = true)
    val fusedRows = fused.persist().collect()
    val perUnit = fusedRows
      .map(r => r.getInt(0) -> (r.getLong(1), r.getDecimal(2).toBigInteger.toString))
      .toMap
    // segment-stats manifest from the same pass: tiny cached write,
    // partitioned by segment so a resumed delivery adds its units
    // without clobbering committed ones
    fused.withColumnRenamed("__unit", "segment_id")
      .drop("__rows", "__hash_sum")
      .coalesce(1).write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("segment_id").parquet(s"$outDir/stats")
    fused.unpersist()

    // independent receipt probe: ONE re-read of the delivered files
    // verifies every unit (same fidelity as per-unit probes, U−1 fewer
    // jobs)
    val (probe, _) = groupedCountHashStats(withStats = false)
    val probed = probe.collect()
      .map(r => r.getInt(0) -> (r.getLong(1), r.getDecimal(2).toBigInteger.toString))
      .toMap

    val results = Seq.newBuilder[UnitResult]
    var delivered = 0
    todo.iterator
      .takeWhile(_ => killAfterUnits.forall(delivered < _))
      .foreach { u =>
        val unitDir = s"$unitsRoot/__unit=${u.unitId}"
        val (rows, hash) = perUnit(u.unitId)
        val pkg = PackageWriter.writeManifest(s"$outDir/unit_${u.unitId}", resource,
          planHash = s"cdc-unit-${u.unitId}:${u.fromTx}-${u.toTx}",
          rows = rows, qRows = 0L, columns = dataCols, hash = hash, segments = 1)
        ledger.propose(resource, scope(resource), pkg.packageHash,
          Some(Position.Cursor(txCol, u.toTx)))
        val receipt = PackageWriter.Receipt(s"parquet:$unitDir", rows, hash)
        require(probed.get(u.unitId).contains((rows, hash)),
          s"cdc unit ${u.unitId} receipt verify failed")
        ledger.commit(resource, scope(resource), pkg.packageHash, receipt.toJsonString)
        results += UnitResult(u.unitId, u.fromTx, u.toTx, rows, pkg.packageHash)
        delivered += 1
      }
    results.result()
  }

  /** Materialized view after ordered apply of all delivered units:
    * last op per key in (tx, order-cols) order; terminal delete
    * removes. */
  def applied(spark: SparkSession, outDir: String, keys: Seq[String], opCol: String,
      txCol: String, orderCols: Seq[String]): DataFrame = {
    val units = spark.read.parquet(s"$outDir/unit_*/data")
    MergeOps.cdcApply(units, keys, opCol, txCol +: orderCols)
  }

  /** `applied` for the bulk layout (`units/__unit=K`). */
  def appliedBulk(spark: SparkSession, outDir: String, keys: Seq[String], opCol: String,
      txCol: String, orderCols: Seq[String]): DataFrame = {
    val units = spark.read.parquet(s"$outDir/units").drop("__unit")
    MergeOps.cdcApply(units, keys, opCol, txCol +: orderCols)
  }
}
