package graft

import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types._

import graft.core.{GraftError, Ledger, Position}
import graft.operators.MergeOps
import graft.pkg.PackageWriter
import graft.run.Runner
import graft.sources.dsv2.{CdcLogRegistry, TxnOffset}
import graft.streaming.{CdcLogRunner, Settlement}

/** CDC log source end-to-end conformance (cdf: cdc_log_source.rs:34-340
  * settlement packing; crates/cdf-conformance/src/runtime_chaos/ —
  * kill-between-units loses nothing, duplicates nothing, and no
  * delivered unit ever splits a source transaction). */
class CdcLogSpec extends SparkSpec {

  private val schema = StructType(Seq(
    StructField("tx_id", LongType), StructField("key", LongType),
    StructField("op", StringType), StructField("v", DoubleType)))

  /** txn sizes 1..12 → with maxOps=6 the packing rule yields unit
    * boundaries 3, 5, 7, 9, 12 (validated against Settlement.pack, not
    * hand-trusted). */
  private val txnSizes = Seq(1 -> 1, 2 -> 3, 3 -> 2, 4 -> 5, 5 -> 1, 6 -> 1,
    7 -> 4, 8 -> 2, 9 -> 2, 10 -> 3, 11 -> 1, 12 -> 2)
  private val policy = Settlement.Policy(maxOps = 6, maxBytes = Long.MaxValue)

  private def logRows: Seq[Row] = txnSizes.flatMap { case (tx, n) =>
    (0 until n).map(i => Row(tx.toLong, (tx * 100 + i).toLong,
      if (i == n - 1 && tx % 4 == 0) "delete" else if (i == 0) "insert" else "update",
      tx + i / 10.0))
  }

  private def expectedUnits: Seq[Set[Long]] = {
    val txns = txnSizes.map { case (tx, n) => Settlement.Txn(tx.toLong, n, n * 10L) }
    Settlement.pack(txns, policy).map(_.map(_.txId).toSet)
  }

  private def readStreamOf(table: String): DataFrame =
    spark.readStream.format("graft.sources.dsv2.CdcLogSource")
      .option("table", table).load()

  test("settlement planning budget: a pathological transaction count fails typed, never OOMs the driver") {
    import spark.implicits._
    val log = spark.createDataFrame(
      spark.sparkContext.parallelize(logRows), schema)
    // 12 transactions against a budget of 2 → typed Resource error
    val e = intercept[graft.core.GraftError.Resource](
      CdcLogRunner.txnSummaries(log, "tx_id",
        budget = CdcLogRunner.PlanBudget(maxTxns = 2L)))
    assert(e.getMessage.contains("intake budget") && !e.transient, e.getMessage)
    // within budget the summaries are unchanged
    val ok = CdcLogRunner.txnSummaries(log, "tx_id")
    assert(ok.map(t => t.txId -> t.ops) == txnSizes.map { case (t, n) => (t.toLong, n) })
  }

  test("micro-batch admission: one settlement unit per batch, transactions never split") {
    CdcLogRegistry.register("cdc_units",
      CdcLogRegistry.Entry(schema, logRows, "tx_id", policy, bytesPerOp = 10L))
    val ckpt = tmpDir()
    val batches = mutable.ArrayBuffer.empty[Set[Long]]
    val q = readStreamOf("cdc_units").writeStream
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", ckpt)
      .foreachBatch { (b: org.apache.spark.sql.Dataset[Row], _: Long) =>
        batches += b.select("tx_id").collect().map(_.getLong(0)).toSet
        ()
      }.start()
    q.awaitTermination()

    assert(batches.toSeq == expectedUnits, "each micro-batch must be exactly one settlement unit")
    // every checkpointed offset is a transaction boundary
    val boundaries = CdcLogRegistry.get("cdc_units").boundaries.toSet + TxnOffset.Start.txId
    val offsetTxs = Files.list(Paths.get(ckpt, "offsets")).iterator().asScala
      .filter(_.getFileName.toString.forall(_.isDigit)) // skip .crc companions
      .flatMap { p =>
        "\"tx_id\":(-?\\d+)".r.findAllMatchIn(
          new String(Files.readAllBytes(p), java.nio.charset.StandardCharsets.UTF_8))
          .map(_.group(1).toLong)
      }.toSet
    assert(offsetTxs.nonEmpty && offsetTxs.subsetOf(boundaries))
  }

  test("chaos: crash mid-drain, restart resumes at a unit boundary — no loss, no dup, no split") {
    CdcLogRegistry.register("cdc_chaos",
      CdcLogRegistry.Entry(schema, logRows, "tx_id", policy, bytesPerOp = 10L))
    val ckpt = tmpDir()
    val delivered = mutable.ArrayBuffer.empty[Seq[Long]]

    def run(dieAfterBatches: Int): Option[Throwable] = {
      var n = 0
      val q = readStreamOf("cdc_chaos").writeStream
        .trigger(Trigger.AvailableNow())
        .option("checkpointLocation", ckpt)
        .foreachBatch { (b: org.apache.spark.sql.Dataset[Row], _: Long) =>
          val keys = b.select("key").collect().map(_.getLong(0)).toSeq
          n += 1
          if (n > dieAfterBatches) throw new RuntimeException("injected crash")
          delivered += keys
          ()
        }.start()
      try { q.awaitTermination(); None } catch { case t: Throwable => Some(t) }
    }

    assert(run(dieAfterBatches = 2).isDefined, "injected crash must surface")
    assert(delivered.size == 2)
    assert(run(dieAfterBatches = Int.MaxValue).isEmpty)

    // exactly once across the crash: all keys delivered, none twice
    val all = delivered.flatten
    assert(all.size == all.distinct.size, "no duplicates across restart")
    assert(all.toSet == logRows.map(_.getLong(1)).toSet, "no loss across restart")
    // and every delivered batch is a union of WHOLE transactions
    val byTx = logRows.groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(1)).toSet).toMap
    delivered.foreach { keys =>
      val txs = logRows.filter(r => keys.contains(r.getLong(1))).map(_.getLong(0)).toSet
      assert(keys.toSet == txs.flatMap(byTx), "a batch split a transaction")
    }
  }

  /** The log written as 4 parquet files and read back, with its
    * settlement plans. */
  private def parquetLog(): (DataFrame, Seq[CdcLogRunner.UnitPlan]) = {
    val logDir = s"${tmpDir()}/log"
    spark.createDataFrame(logRows.asJava, schema)
      .repartition(4).write.parquet(logDir)
    val log = spark.read.parquet(logDir)
    (log, CdcLogRunner.packPlans(
      CdcLogRunner.txnSummaries(log, "tx_id", fallbackBytesPerOp = 10L), policy))
  }

  /** Every delivered unit's rows (`units/__unit=K`), unit column dropped. */
  private def delivered(outDir: String): DataFrame =
    spark.read.parquet(s"$outDir/units").drop("__unit")

  test("ledger drain: kill between units, resume from typed cursor, applied state identical") {
    val (log, plans) = parquetLog()
    val outDir = tmpDir()
    val ledger = Ledger.at(outDir)
    assert(plans.map(p => (p.fromTx to p.toTx).toSet.intersect(txnSizes.map(_._1.toLong).toSet))
      == expectedUnits, "parquet-backed planning matches the packing rule")

    val first = CdcLogRunner.drainBulk(log, "tx_id", outDir, ledger, "chaos_res", plans,
      killAfterUnits = Some(2))
    assert(first.size == 2)
    assert(ledger.resumePosition("chaos_res", "cdc:chaos_res")
      == Some(Position.Cursor("tx_id", plans(1).toTx)), "cursor parks at a unit boundary")

    val second = CdcLogRunner.drainBulk(log, "tx_id", outDir, ledger, "chaos_res", plans)
    assert(first.map(_.unitId).toSet.intersect(second.map(_.unitId).toSet).isEmpty)
    assert((first ++ second).map(_.unitId) == plans.map(_.unitId), "all units delivered once")
    assert(CdcLogRunner.drainBulk(log, "tx_id", outDir, ledger, "chaos_res", plans).isEmpty,
      "replay delivers nothing (exactly-once)")

    // delivered packages union == the log, exactly
    val unioned = delivered(outDir)
    assert(unioned.count() == logRows.size)
    assert(PackageWriter.contentHash(unioned) == PackageWriter.contentHash(log))

    // ordered apply over delivered units == one-shot apply over the log
    val viaUnits = CdcLogRunner.appliedBulk(spark, outDir, Seq("key"), "op", "tx_id", Seq("v"))
      .orderBy("key").collect().toSeq
    val oneShot = MergeOps.cdcApply(log, Seq("key"), "op", Seq("tx_id", "v"))
      .orderBy("key").collect().toSeq
    assert(viaUnits == oneShot)
  }

  test("bulk drain: one source pass, same packages, same chaos law as sequential") {
    val (log, plans) = parquetLog()
    val outDir = tmpDir()
    val ledger = Ledger.at(outDir)
    val results = CdcLogRunner.drainBulk(log, "tx_id", outDir, ledger, "bulk_res", plans)
    assert(results.map(_.unitId) == plans.map(_.unitId))

    // each unit holds exactly its tx range of the log: same rows, same
    // content hash, and its committed package is the one returned
    plans.zip(results).foreach { case (p, r) =>
      val (rows, hash) = PackageWriter.countAndHash(
        log.filter(col("tx_id").between(p.fromTx, p.toTx)))
      assert(r.rows == rows && rows == p.ops, s"unit ${p.unitId}")
      assert(PackageWriter.countAndHash(
        spark.read.parquet(s"$outDir/units/__unit=${p.unitId}")) == (rows, hash), s"unit ${p.unitId}")
    }
    assert(ledger.entries().filter(e => e.resource == "bulk_res" && e.state == "committed")
      .map(_.packageHash) == results.map(_.packageHash))
    // segment-stats manifest has one row per unit
    assert(spark.read.parquet(s"$outDir/stats").count() == plans.size)
  }

  test("bulk drain: a unit whose written files lost rows is refused; a clean re-run delivers every unit once") {
    val (log, plans) = parquetLog()
    val outDir = tmpDir()
    val ledger = Ledger.at(outDir)
    // between the write and the probe, one part file of the first unit goes
    Runner.ChaosHooks.beforeReceiptProbe = Some { unitsRoot =>
      val part = Files.list(Paths.get(unitsRoot, s"__unit=${plans.head.unitId}"))
        .iterator().asScala.find(_.getFileName.toString.startsWith("part-")).get
      Files.delete(part)
    }
    try intercept[GraftError.Destination](
      CdcLogRunner.drainBulk(log, "tx_id", outDir, ledger, "lost_res", plans))
    finally Runner.ChaosHooks.beforeReceiptProbe = None
    assert(ledger.resumePosition("lost_res", "cdc:lost_res").isEmpty)
    assert(!ledger.entries().exists(_.state == "committed"), "nothing committed for the unit")

    val rerun = CdcLogRunner.drainBulk(log, "tx_id", outDir, ledger, "lost_res", plans)
    assert(rerun.map(_.unitId) == plans.map(_.unitId), "every unit delivered once")
    assert(PackageWriter.countAndHash(delivered(outDir)) == PackageWriter.countAndHash(log))
  }
}
