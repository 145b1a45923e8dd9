package graft.operators

import java.sql.Timestamp
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Explicit 3-way late-data split (cdf: crates/cdf-engine/src/
  * late_data.rs:10-110 `classify_late_data`; actions
  * crates/cdf-kernel/src/execution_extent.rs:613-617 `LateDataAction`).
  *
  * Spark's built-in watermark silently DROPS late rows; the reference
  * instead routes every row to exactly one of
  * admit / recapture-next-epoch / quarantine, with evidence. We
  * reproduce that as a single classifying projection (no shuffle),
  * usable in batch or inside `foreachBatch`.
  */
object LateData {
  val DispositionCol = "_graft_late_disposition"
  val Admit = "admit"
  val Recapture = "recapture"
  val Quarantine = "quarantine"

  /** Classify by event-time vs an explicit watermark:
    *  - `ts >= watermark`                 → admit
    *  - `watermark - grace <= ts < wm`    → recapture (carryover to next epoch)
    *  - `ts < watermark - grace`          → quarantine
    * Watermark is an explicit value, never wall-clock (replay
    * determinism; cdf VISION.md:460-464). */
  def classify(df: DataFrame, eventTimeCol: String, watermark: Timestamp, graceMs: Long): DataFrame = {
    val wm = lit(watermark)
    val lo = lit(new Timestamp(watermark.getTime - graceMs))
    val ts = col(eventTimeCol)
    df.withColumn(DispositionCol,
      when(ts >= wm, Admit).when(ts >= lo, Recapture).otherwise(Quarantine))
  }

  def split(df: DataFrame, eventTimeCol: String, watermark: Timestamp, graceMs: Long)
      : (DataFrame, DataFrame, DataFrame) = {
    val c = classify(df, eventTimeCol, watermark, graceMs)
    def part(v: String) = c.filter(col(DispositionCol) === v).drop(DispositionCol)
    (part(Admit), part(Recapture), part(Quarantine))
  }
}
