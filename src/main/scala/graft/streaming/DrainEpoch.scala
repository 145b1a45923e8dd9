package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.{Ledger, Position}
import graft.operators.LateData
import graft.pkg.PackageWriter

/** Drain-mode streaming: run-until-quiescent epochs over a bounded or
  * unbounded source (cdf: crates/cdf-runtime/src/drain_epoch.rs:44-660
  * `DrainEpochController`; VISION.md:366-374).
  *
  * Spark-first shape: `Trigger.AvailableNow`-style epochs — here an
  * explicit epoch loop (each epoch = one bounded micro-batch window)
  * so the controller is testable without a streaming source. Per
  * epoch: classify late data 3 ways (admit / recapture / quarantine),
  * union the previous epoch's recaptured carryover, close the window,
  * write the epoch package, settle, advance the safe frontier
  * (= only ADMITTED data advances it, cdf execution_extent.rs:619-624),
  * then gate the next epoch on the ledger commit.
  *
  * Closure triggers (drain_epoch.rs:65-100): quiescence (no new rows),
  * max epochs, max rows.
  */
object DrainEpoch {

  final case class EpochResult(
      epoch: Int,
      watermark: Timestamp,
      admitted: Long,
      recaptured: Long,
      quarantined: Long,
      packageHash: String,
      frontierUs: Option[Long])

  /** Epoch-closure cadence triggers (cdf: resource_sql.rs:512-529,
    * declarations.rs:140-148 — `ELAPSED n | WATERMARK | BATCHES n |
    * ROWS n | BYTES n`): an epoch closes (package rotates, ledger
    * settles) when ANY armed trigger fires. */
  sealed trait Cadence
  object Cadence {
    final case class Batches(n: Int) extends Cadence
    final case class Rows(n: Long) extends Cadence
    final case class Bytes(n: Long) extends Cadence
    /** close when the watermark advanced at least `us` since last close. */
    final case class WatermarkAdvance(us: Long) extends Cadence
  }

  final case class CadenceState(batches: Int, rows: Long, bytes: Long,
      lastCloseWatermarkUs: Long)

  def shouldClose(triggers: Seq[Cadence], s: CadenceState, currentWmUs: Long): Boolean =
    triggers.exists {
      case Cadence.Batches(n) => s.batches >= n
      case Cadence.Rows(n) => s.rows >= n
      case Cadence.Bytes(n) => s.bytes >= n
      case Cadence.WatermarkAdvance(us) => currentWmUs - s.lastCloseWatermarkUs >= us
    }

  final case class Config(
      resource: String,
      eventTimeCol: String,
      graceMs: Long,
      lagMs: Long,
      maxEpochs: Int)

  /** Settle a written package: propose it at `position`, require its
    * read-back to match the receipt the write observed, then commit. */
  private[streaming] def settle(ledger: Ledger, resource: String, scope: String,
      pkg: PackageWriter.PackageResult, rb: PackageWriter.ReadBack,
      position: Option[Position], what: String): Unit = {
    ledger.propose(resource, scope, pkg.packageHash, position)
    require(rb.matches, s"$what receipt verify failed")
    ledger.commit(resource, scope, pkg.packageHash, rb.receipt.toJsonString)
  }

  /** Drain `batches` (one DataFrame per arrival window, simulating the
    * source's delivery order) through epochs with watermark advance. */
  def drain(spark: SparkSession, cfg: Config, batches: Seq[DataFrame],
      watermarks: Seq[Timestamp], outDir: String, ledger: Ledger): Seq[EpochResult] = {
    require(batches.length == watermarks.length, "one watermark per epoch")
    var carryover: Option[DataFrame] = None
    var frontier: Option[Long] = None
    val results = Seq.newBuilder[EpochResult]
    var lastWm: Timestamp = null
    var epochsRun = 0

    batches.zip(watermarks).zipWithIndex.take(cfg.maxEpochs).foreach {
      case ((batch, wm), epoch) =>
        // Only the NEW batch is classified against the (monotone) watermark.
        // The previous epoch's recaptured rows are admitted into THIS
        // epoch's package directly (cdf orchestration.rs:3845-3978 feeds
        // carryover into the next epoch's package as admitted rows):
        // re-classifying them against a watermark that only advances would
        // cycle recapture→quarantine and never deliver within-grace data.
        val (admitNew, recapture, quarantine) =
          LateData.split(batch, cfg.eventTimeCol, wm, cfg.graceMs)
        val admit = carryover.map(admitNew.unionByName(_)).getOrElse(admitNew)
        lastWm = wm

        val pkgDir = s"$outDir/epoch_$epoch"
        val pkg = PackageWriter.write(admit, Some(quarantine), pkgDir,
          cfg.resource, planHash = s"epoch-$epoch")

        // safe frontier: committed position only from ADMITTED data,
        // window-close = max(event_time) − lag; the max comes from the
        // same scan of the written package that checks its receipt
        val rb = PackageWriter.readBack(spark, pkg,
          Seq(max(col(cfg.eventTimeCol)).cast("timestamp")))
        val newFrontier =
          if (rb.extras.isNullAt(0)) frontier
          else {
            val closeUs = rb.extras.getTimestamp(0).getTime * 1000L - cfg.lagMs * 1000L
            // monotone: the frontier never regresses
            Some(frontier.fold(closeUs)(math.max(_, closeUs)))
          }

        settle(ledger, cfg.resource, s"stream:${cfg.resource}/epoch:$epoch", pkg, rb,
          newFrontier.map(Position.Cursor(cfg.eventTimeCol, _)), s"epoch $epoch")
        frontier = newFrontier

        val rec = recapture.persist()
        val recCount = rec.count()
        carryover.foreach(_.unpersist()) // consumed into this epoch's package
        carryover = if (recCount > 0) Some(rec) else { rec.unpersist(); None }

        results += EpochResult(epoch, wm, pkg.rows, recCount,
          pkg.quarantined, pkg.packageHash, frontier)
        epochsRun += 1
    }

    // Drain end: recaptured rows from the final epoch must never be
    // dropped (cdf orchestration.rs:3845-3978 — carryover is delivered,
    // not discarded). Flush them as one final admitted package, settled
    // through the ledger like any epoch.
    carryover.foreach { rest =>
      val epoch = epochsRun
      val pkgDir = s"$outDir/epoch_$epoch"
      val pkg = PackageWriter.write(rest, None, pkgDir, cfg.resource,
        planHash = s"epoch-$epoch-carryover-flush")
      settle(ledger, cfg.resource, s"stream:${cfg.resource}/epoch:$epoch", pkg,
        PackageWriter.readBack(spark, pkg),
        frontier.map(Position.Cursor(cfg.eventTimeCol, _)), "carryover flush")
      rest.unpersist()
      results += EpochResult(epoch, lastWm, pkg.rows, 0, 0, pkg.packageHash, frontier)
    }
    results.result()
  }
}
