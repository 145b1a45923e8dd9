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
  * [[Epochs]] is the one epoch step. Per epoch: classify late data 3
  * ways (admit / recapture / quarantine), union the previous epoch's
  * recaptured carryover, write the epoch package (its write observes
  * the admitted event-time max), advance the safe frontier from that max
  * (= only ADMITTED data advances it, cdf execution_extent.rs:619-624),
  * settle the package at the frontier through [[Ledger.settle]] against
  * its read-back receipt; at drain end, flush the last carryover as one
  * more package. A re-run over the same ledger replays: each epoch's
  * package is already committed, so no entry is appended. Two
  * drivers feed it: [[drain]], an explicit loop over bounded batches so
  * the controller is testable without a streaming source, and
  * [[StreamRunner.drainAvailableNow]], which feeds it micro-batches. A
  * failed epoch releases the cached carryover before the error leaves
  * either driver.
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

  /** Settle a written package at `position` through the ledger's one
    * settle step; its receipt is the package's read-back. */
  private[streaming] def settle(spark: SparkSession, ledger: Ledger, resource: String,
      scope: String, pkg: PackageWriter.PackageResult, position: Option[Position]): Unit =
    ledger.settle(resource, scope, pkg.packageHash, position) { _ =>
      val rb = PackageWriter.readBack(spark, pkg)
      (rb.receipt.toJsonString, rb.matches)
    }

  /** Name of the admitted event-time max the epoch package write observes. */
  private val EventTimeMax = "__event_time_max"

  /** The drain state one epoch step runs against: the previous
    * epoch's recaptured carryover (cached) and the results so far, whose
    * last entry holds the safe frontier and the last watermark. The
    * frontier is observed on the package write (its event-time max, in
    * milliseconds), never read back from the package. Both drivers run
    * their epochs through it; `planPrefix` + epoch number is each
    * package's plan hash. */
  private[streaming] final class Epochs(spark: SparkSession, cfg: Config, planPrefix: String,
      outDir: String, ledger: Ledger) {
    private var carryover: Option[DataFrame] = None
    private val results = scala.collection.mutable.ArrayBuffer.empty[EpochResult]
    private def frontier = results.lastOption.flatMap(_.frontierUs)

    def epoch(n: Int, batch: DataFrame, wm: Timestamp): Unit = {
      // Only the NEW batch is classified against the (monotone) watermark.
      // The previous epoch's recaptured rows are admitted into THIS
      // epoch's package directly (cdf orchestration.rs:3845-3978):
      // re-classifying them against a watermark that only advances would
      // cycle recapture→quarantine and never deliver within-grace data.
      val (admitNew, recapture, quarantine) =
        LateData.split(batch, cfg.eventTimeCol, wm, cfg.graceMs)
      val admit = carryover.map(admitNew.unionByName(_)).getOrElse(admitNew)
      // safe frontier: committed position only from ADMITTED data,
      // window-close = max(event_time) − lag, never regressing; the max
      // (truncated to milliseconds) is observed by the package write
      val pkg = PackageWriter.write(admit, Some(quarantine), s"$outDir/epoch_$n",
        cfg.resource, planHash = s"$planPrefix$n",
        extraAggs = Seq(unix_millis(max(col(cfg.eventTimeCol)).cast("timestamp")).as(EventTimeMax)))
      val newFrontier = Option(pkg.observed(EventTimeMax)).fold(frontier) { ms =>
        val closeUs = ms.asInstanceOf[Long] * 1000L - cfg.lagMs * 1000L
        Some(frontier.fold(closeUs)(math.max(_, closeUs)))
      }
      settle(n, pkg, newFrontier)
      release() // consumed into this epoch's package
      carryover = Some(recapture.persist())
      val recCount = carryover.get.count()
      if (recCount == 0) release()
      results += EpochResult(n, wm, pkg.rows, recCount, pkg.quarantined, pkg.packageHash,
        newFrontier)
    }

    /** Drain end: the last epoch's recaptured rows are delivered, never
      * dropped (cdf orchestration.rs:3845-3978), as one more admitted
      * package settled like any epoch, in `epoch_<n>_flush`: a later drain
      * over the same checkpoint starts its batches at `n`. */
    def finish(): Seq[EpochResult] = {
      carryover.foreach { rest =>
        val last = results.last
        val n = last.epoch + 1
        val pkg = PackageWriter.write(rest, None, s"$outDir/epoch_${n}_flush", cfg.resource,
          planHash = s"$planPrefix$n-carryover-flush")
        settle(n, pkg, frontier)
        release()
        results += EpochResult(n, last.watermark, pkg.rows, 0, 0, pkg.packageHash, frontier)
      }
      results.toSeq
    }

    /** Unpersist the cached carryover, if any. */
    def release(): Unit = {
      carryover.foreach(_.unpersist())
      carryover = None
    }

    private def settle(n: Int, pkg: PackageWriter.PackageResult, at: Option[Long]): Unit =
      DrainEpoch.settle(spark, ledger, cfg.resource, s"stream:${cfg.resource}/epoch:$n", pkg,
        at.map(Position.Cursor(cfg.eventTimeCol, _)))
  }

  /** Drain `batches` (one DataFrame per arrival window, simulating the
    * source's delivery order) through epochs with watermark advance. */
  def drain(spark: SparkSession, cfg: Config, batches: Seq[DataFrame],
      watermarks: Seq[Timestamp], outDir: String, ledger: Ledger): Seq[EpochResult] = {
    require(batches.length == watermarks.length, "one watermark per epoch")
    val epochs = new Epochs(spark, cfg, "epoch-", outDir, ledger)
    try {
      batches.zip(watermarks).zipWithIndex.take(cfg.maxEpochs).foreach {
        case ((batch, wm), n) => epochs.epoch(n, batch, wm)
      }
      epochs.finish()
    } finally epochs.release()
  }
}
