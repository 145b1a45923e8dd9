package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Dataset, Row}
import org.apache.spark.sql.streaming.Trigger

import graft.core.Ledger

/** Structured-Streaming execution of the drain-epoch pipeline
  * (cdf: VISION.md:366-374 drain mode; SURVEY §2.7 mapping —
  * `Trigger.AvailableNow` + `foreachBatch` with explicit epoch close).
  *
  * Each micro-batch is one epoch of [[DrainEpoch]]'s epoch step, the
  * only one: `foreachBatch` hands it the batch as an ordinary DataFrame
  * with an explicit watermark carried in the data (NOT Spark's built-in
  * watermark, which silently drops late rows). `Trigger.AvailableNow`
  * gives run-until-quiescent semantics: the query drains everything
  * available, then stops — the reference's drain mode exactly. The
  * end-of-drain carryover is flushed after the query stops. Each
  * epoch's recaptured rows live in `<outDir>/_carryover/`, next to the
  * `_checkpoint/`, and its committed ledger entry records them, so a
  * drain resumed on the same checkpoint and ledger reads the carryover
  * the last committed epoch left (or, for a batch Spark runs again, the
  * one that batch admitted) and delivers every row; a failed epoch
  * leaves nothing to clean up.
  */
object StreamRunner {

  final case class StreamResult(
      epochs: Seq[DrainEpoch.EpochResult],
      frontierUs: Option[Long])

  /** Run a drain over a streaming DataFrame. `watermarkFor` derives the
    * epoch watermark from the batch (e.g. max(ts) − slack) — explicit
    * and recorded, never wall-clock; a batch without one (empty) is
    * skipped. */
  def drainAvailableNow(
      stream: DataFrame,
      eventTimeCol: String,
      graceMs: Long,
      lagMs: Long,
      watermarkFor: DataFrame => Option[Timestamp],
      outDir: String,
      ledger: Ledger,
      resource: String): StreamResult = {
    // the query ends when the source is drained: no epoch bound
    val epochs = new DrainEpoch.Epochs(stream.sparkSession,
      DrainEpoch.Config(resource, eventTimeCol, graceMs, lagMs, maxEpochs = Int.MaxValue),
      "stream-epoch-", outDir, ledger, stream.schema)
    stream.writeStream
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", s"$outDir/_checkpoint")
      .foreachBatch { (batch: Dataset[Row], id: Long) =>
        val df = batch.toDF()
        watermarkFor(df).foreach(epochs.epoch(id.toInt, df, _))
      }
      .start()
      .awaitTermination()
    val results = epochs.finish()
    StreamResult(results, results.lastOption.flatMap(_.frontierUs))
  }
}
