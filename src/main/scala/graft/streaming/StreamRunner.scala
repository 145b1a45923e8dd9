package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.core.Ledger
import graft.operators.LateData
import graft.pkg.PackageWriter

/** Structured-Streaming execution of the drain-epoch pipeline
  * (cdf: VISION.md:366-374 drain mode; SURVEY §2.7 mapping —
  * `Trigger.AvailableNow` + `foreachBatch` with explicit epoch close).
  *
  * Each micro-batch is one epoch: classify late data 3 ways against an
  * explicit watermark column carried in the data (NOT Spark's built-in
  * watermark, which silently drops late rows), package the admitted
  * rows, settle through the ledger, advance the safe frontier.
  * `Trigger.AvailableNow` gives run-until-quiescent semantics: the
  * query drains everything available, then stops — the reference's
  * drain mode exactly.
  */
object StreamRunner {

  final case class StreamResult(
      epochs: Seq[DrainEpoch.EpochResult],
      frontierUs: Option[Long])

  /** Run a drain over a streaming DataFrame. `watermarkFor` derives the
    * epoch watermark from the batch (e.g. max(ts) − slack) — explicit
    * and recorded, never wall-clock. */
  def drainAvailableNow(
      stream: DataFrame,
      eventTimeCol: String,
      graceMs: Long,
      lagMs: Long,
      watermarkFor: DataFrame => Option[Timestamp],
      outDir: String,
      ledger: Ledger,
      resource: String): StreamResult = {

    val results = scala.collection.mutable.ArrayBuffer.empty[DrainEpoch.EpochResult]
    var frontier: Option[Long] = None
    var carryover: Option[DataFrame] = None
    var lastWm: Option[Timestamp] = None
    val spark = stream.sparkSession

    val q = stream.writeStream
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", s"$outDir/_checkpoint")
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], epochId: Long) =>
        val batchDf = batch.toDF()
        watermarkFor(batchDf) match {
          case None => // empty epoch: nothing to settle
          case Some(wm) =>
            // Classify only the new batch; prior carryover is admitted into
            // this epoch's package directly (see DrainEpoch.drain — the
            // watermark is monotone, so re-classifying carryover would
            // starve it into quarantine instead of delivering it).
            val (admitNew, recapture, quarantine) =
              LateData.split(batchDf, eventTimeCol, wm, graceMs)
            val admit = carryover.map(admitNew.unionByName(_)).getOrElse(admitNew)
            val pkgDir = s"$outDir/epoch_$epochId"
            val pkg = PackageWriter.write(admit, Some(quarantine), pkgDir,
              resource, planHash = s"stream-epoch-$epochId")
            // one scan of the written package: receipt check + frontier max
            val rb = PackageWriter.readBack(spark, pkg,
              Seq(max(col(eventTimeCol)).cast("timestamp")))
            if (!rb.extras.isNullAt(0)) {
              val closeUs = rb.extras.getTimestamp(0).getTime * 1000L - lagMs * 1000L
              frontier = Some(frontier.fold(closeUs)(math.max(_, closeUs)))
            }
            DrainEpoch.settle(ledger, resource, s"stream:$resource/epoch:$epochId", pkg, rb,
              frontier.map(graft.core.Position.Cursor(eventTimeCol, _)), s"epoch $epochId")
            val rec = recapture.persist()
            val n = rec.count()
            carryover.foreach(_.unpersist()) // consumed into this epoch
            carryover = if (n > 0) Some(rec) else { rec.unpersist(); None }
            lastWm = Some(wm)
            results += DrainEpoch.EpochResult(epochId.toInt, wm, pkg.rows, n,
              pkg.quarantined, pkg.packageHash, frontier)
            ()
        }
      }
      .start()
    q.awaitTermination()

    // Never drop end-of-drain carryover (cdf orchestration.rs:3845-3978):
    // flush the final epoch's recaptured rows as one more settled package.
    carryover.foreach { rest =>
      val epoch = results.map(_.epoch).maxOption.fold(0)(_ + 1)
      val pkgDir = s"$outDir/epoch_${epoch}_flush"
      val pkg = PackageWriter.write(rest, None, pkgDir, resource,
        planHash = s"stream-epoch-$epoch-carryover-flush")
      DrainEpoch.settle(ledger, resource, s"stream:$resource/epoch:$epoch", pkg,
        PackageWriter.readBack(spark, pkg),
        frontier.map(graft.core.Position.Cursor(eventTimeCol, _)), "stream carryover flush")
      rest.unpersist()
      results += DrainEpoch.EpochResult(epoch, lastWm.orNull, pkg.rows, 0, 0,
        pkg.packageHash, frontier)
    }
    StreamResult(results.toSeq, frontier)
  }
}
