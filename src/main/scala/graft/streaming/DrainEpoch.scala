package graft.streaming

import java.sql.Timestamp

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.core.CanonicalJson._
import graft.core.{GraftError, Ledger, Position}
import graft.operators.LateData
import graft.pkg.PackageWriter

/** Drain-mode streaming: run-until-quiescent epochs over a bounded or
  * unbounded source (cdf: crates/cdf-runtime/src/drain_epoch.rs:44-660
  * `DrainEpochController`; VISION.md:366-374).
  *
  * [[Epochs]] is the one epoch step. Per epoch: classify late data 3
  * ways (admit / recapture / quarantine), union the previous epoch's
  * recaptured carryover, write the epoch package (its write observes
  * the admitted event-time max; its quarantine's write job also writes
  * the recaptured rows to `<outDir>/_carryover/epoch_<n>/`, observing
  * their count and content hash), advance the safe frontier from the
  * max (= only ADMITTED data advances it, cdf
  * execution_extent.rs:619-624), and settle the package at the frontier
  * through [[Ledger.settle]] against its read-back receipt, which
  * records the carryover's count and hash; at drain end, flush the last
  * carryover as one more package. The carryover is a table, not a cache
  * (SURVEY §2.7): the next epoch or the flush reads it back and checks
  * it against its record, and a failed epoch leaves nothing to clean
  * up. A drain resumed on the same ledger starts from what is committed
  * and on disk, so a re-run batch rebuilds its committed package (which
  * settles as a replay, appending nothing) and no recaptured row is
  * lost. Two drivers feed it: [[drain]], an explicit loop over bounded
  * batches so the controller is testable without a streaming source,
  * and [[StreamRunner.drainAvailableNow]], which feeds it micro-batches.
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

  /** An epoch's recaptured rows, written to `<outDir>/_carryover/epoch_<epoch>/`:
    * their row count and content hash as that write observed them, and
    * the watermark they were recaptured under. The epoch's committed
    * ledger entry records it in its receipt, outside package identity. */
  private[streaming] final case class Carryover(epoch: Int, rows: Long, hash: String,
      watermark: Timestamp) {
    def toJson: J = JObj.of("rows" -> JInt(rows), "content_hash" -> JStr(hash),
      "watermark_ms" -> JInt(watermark.getTime))
  }

  private def carryoverOf(epoch: Int, j: J): Carryover = {
    val f = objFields(j)
    (f.get("rows"), f.get("content_hash"), f.get("watermark_ms")) match {
      case (Some(JInt(rows)), Some(JStr(hash)), Some(JInt(ms))) =>
        Carryover(epoch, rows, hash, new Timestamp(ms))
      case _ => throw GraftError.State(s"malformed drain carryover record: ${render(j)}")
    }
  }

  /** Settle a written package at `position` through the ledger's one
    * settle step; its receipt is the package's read-back, plus the
    * epoch's carryover record if it has one. Returns the committed
    * entry: this call's, or the earlier one of a replayed package. */
  private def settle(spark: SparkSession, ledger: Ledger, resource: String,
      scope: String, pkg: PackageWriter.PackageResult, position: Option[Position],
      carryover: Option[Carryover] = None): ledger.Entry =
    ledger.settle(resource, scope, pkg.packageHash, position) { _ =>
      val rb = PackageWriter.readBack(spark, pkg)
      val receipt = rb.receipt.toJson
      (render(carryover.fold(receipt)(c => JObj(receipt.v :+ ("carryover" -> c.toJson)))),
        rb.matches)
    }.entry

  /** Name of the admitted event-time max the epoch package write observes. */
  private val EventTimeMax = "__event_time_max"

  /** The drain state one epoch step runs against, started from what is
    * committed and on disk: one ledger read per drain walks the drain's
    * committed entries in order. An epoch's entry records its carryover;
    * a flush's records none and delivered the one before it. The walk
    * yields the carryover each committed epoch admitted (for a batch the
    * source runs again), the carryover no flush has delivered, and the
    * safe frontier, which therefore never regresses across drains. The
    * frontier is observed on the package write (its event-time max, in
    * milliseconds), never read back from the package. Both drivers run
    * their epochs through it; `planPrefix` + epoch number is each
    * package's plan hash; `schema` is the batches' schema, which a
    * carryover is read back with (no schema-inference job). */
  private[streaming] final class Epochs(spark: SparkSession, cfg: Config, planPrefix: String,
      outDir: String, ledger: Ledger, schema: StructType) {
    private val scopePrefix = s"stream:${cfg.resource}/epoch:"
    private val results = scala.collection.mutable.ArrayBuffer.empty[EpochResult]
    private var (replayed, pending, frontier) = ledger.entries()
      .filter(e => e.resource == cfg.resource && e.state == "committed" &&
        e.scope.startsWith(scopePrefix))
      .foldLeft((Map.empty[Int, Option[Carryover]], Option.empty[Carryover], Option.empty[Long])) {
        case ((admitted, undelivered, _), e) =>
          val n = e.scope.stripPrefix(scopePrefix).toInt
          val written = e.receipt.flatMap(r => objFields(parse(r)).get("carryover"))
            .map(carryoverOf(n, _))
          (if (written.isDefined) admitted + (n -> undelivered) else admitted, written,
            frontierOf(e))
      }

    def epoch(n: Int, batch: DataFrame, wm: Timestamp): Unit = {
      // Only the NEW batch is classified against the (monotone) watermark.
      // The previous epoch's recaptured rows are admitted into THIS
      // epoch's package directly (cdf orchestration.rs:3845-3978):
      // re-classifying them against a watermark that only advances would
      // cycle recapture→quarantine and never deliver within-grace data.
      // The first epoch of a drain that the ledger already holds admits
      // what it admitted when it committed, so it rebuilds that package.
      val (admitNew, recapture, quarantine) =
        LateData.split(batch, cfg.eventTimeCol, wm, cfg.graceMs)
      val incoming = replayed.getOrElse(n, pending).filter(_.rows > 0)
      replayed = Map.empty
      val carried = incoming.map(read(batch.sparkSession, _))
      val admit = carried.fold(admitNew)(c => admitNew.unionByName(c._1))
      // safe frontier: committed position only from ADMITTED data,
      // window-close = max(event_time) − lag, never regressing; the max
      // (truncated to milliseconds) is observed by the package write. The
      // recaptured rows are written in the quarantine's job, which
      // observes their count and content hash.
      val pkg = PackageWriter.write(admit, Some(quarantine), s"$outDir/epoch_$n",
        cfg.resource, planHash = s"$planPrefix$n",
        extraAggs = Seq(unix_millis(max(col(cfg.eventTimeCol)).cast("timestamp")).as(EventTimeMax)),
        carryover = Some(recapture -> s"$outDir/_carryover/epoch_$n"))
      carried.foreach(_._2())
      val (rows, hash) = pkg.carried.get
      val carry = Carryover(n, rows, hash, wm)
      val newFrontier = Option(pkg.observed(EventTimeMax)).fold(frontier) { ms =>
        val closeUs = ms.asInstanceOf[Long] * 1000L - cfg.lagMs * 1000L
        Some(frontier.fold(closeUs)(math.max(_, closeUs)))
      }
      frontier = frontierOf(settle(n, pkg, newFrontier, Some(carry)))
      pending = Some(carry)
      prune(keep = Set(n) ++ incoming.map(_.epoch))
      results += EpochResult(n, wm, pkg.rows, rows, pkg.quarantined, pkg.packageHash, frontier)
    }

    /** Drain end: the last epoch's recaptured rows are delivered, never
      * dropped (cdf orchestration.rs:3845-3978), as one more admitted
      * package settled like any epoch, in `epoch_<n>_flush`: a later drain
      * over the same checkpoint starts its batches at `n`. A drain that
      * runs no epoch flushes the carryover a failed flush left. */
    def finish(): Seq[EpochResult] = {
      pending.filter(_.rows > 0).foreach { c =>
        val n = c.epoch + 1
        val (rows, check) = read(spark, c)
        val pkg = PackageWriter.write(rows, None, s"$outDir/epoch_${n}_flush", cfg.resource,
          planHash = s"$planPrefix$n-carryover-flush")
        check()
        frontier = frontierOf(settle(n, pkg, frontier, None))
        results += EpochResult(n, c.watermark, pkg.rows, 0, 0, pkg.packageHash, frontier)
      }
      results.toSeq
    }

    /** `c`'s rows read back in `session` (the batch's: a micro-batch runs
      * in the stream's own session, whose listeners see its observations)
      * with the batches' schema, and the check, once an action has read
      * them, that they are the rows its write observed: a lost or
      * rewritten carryover file fails the drain loudly. */
    private def read(session: SparkSession, c: Carryover): (DataFrame, () => Unit) = {
      val dir = s"$outDir/_carryover/epoch_${c.epoch}"
      val (rows, seen) =
        PackageWriter.observingCountAndHash(session.read.schema(schema).parquet(dir), dir)
      (rows, () => {
        val (n, hash) = seen()
        if ((n, hash) != (c.rows, c.hash)) throw GraftError.State(s"drain carryover $dir: " +
          s"read $n rows (content hash $hash), its write observed ${c.rows} (${c.hash})")
      })
    }

    /** Keep only the carryovers a re-run of the epoch just settled reads
      * or writes: O(1) dirs under `_carryover/`, however many epochs ran. */
    private def prune(keep: Set[Int]): Unit = {
      val dir = new Path(s"$outDir/_carryover")
      val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
      fs.listStatus(dir).map(_.getPath)
        .filterNot(p => keep.exists(k => p.getName == s"epoch_$k"))
        .foreach(fs.delete(_, true))
    }

    private def frontierOf(e: ledger.Entry): Option[Long] =
      e.position.map(Position.fromJson).collect { case Position.Cursor(_, us) => us }

    private def settle(n: Int, pkg: PackageWriter.PackageResult, at: Option[Long],
        carry: Option[Carryover]): ledger.Entry =
      DrainEpoch.settle(spark, ledger, cfg.resource, s"stream:${cfg.resource}/epoch:$n", pkg,
        at.map(Position.Cursor(cfg.eventTimeCol, _)), carry)
  }

  /** Drain `batches` (one DataFrame per arrival window, simulating the
    * source's delivery order) through epochs with watermark advance. */
  def drain(spark: SparkSession, cfg: Config, batches: Seq[DataFrame],
      watermarks: Seq[Timestamp], outDir: String, ledger: Ledger): Seq[EpochResult] = {
    require(batches.length == watermarks.length, "one watermark per epoch")
    val epochs = new Epochs(spark, cfg, "epoch-", outDir, ledger,
      batches.headOption.fold(new StructType())(_.schema))
    batches.zip(watermarks).zipWithIndex.take(cfg.maxEpochs).foreach {
      case ((batch, wm), n) => epochs.epoch(n, batch, wm)
    }
    epochs.finish()
  }
}
