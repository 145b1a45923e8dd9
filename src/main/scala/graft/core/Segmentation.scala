package graft.core

import graft.core.CanonicalJson._

/** Segment sizing + recording (cdf: crates/cdf-engine/src/
  * segmentation.rs:21-120 `performance_default` — canonical segments
  * target 4 Mi rows / 256 MiB; sizes are RECORDED and replay uses the
  * recordings, VISION.md:362-364).
  *
  * Spark-first: a segment is a written part file, capped per file by
  * [[maxRecordsPerFile]]. The recording lives beside the package
  * (`segments.json`), deliberately OUTSIDE the identity manifest —
  * file layout is an execution detail and must not perturb the
  * package hash (jobs invariance).
  */
object Segmentation {

  final case class Targets(maxRowsPerSegment: Long = 4L * 1024 * 1024,
      maxBytesPerSegment: Long = 256L * 1024 * 1024)

  final case class Recording(segments: Int, rowCount: Long,
      approxBytes: Long, targets: Targets)

  /** Per-file row cap that enforces BOTH targets without knowing the
    * row count up front: the bytes target divided by the estimated row
    * width bounds rows-per-file from the bytes side. Feeding this to
    * the writer's `maxRecordsPerFile` option segments correctly with NO
    * pre-count scan and NO repartition shuffle — each task splits its
    * own output at the cap. At 100 TB this replaces a full extra read
    * plus a full shuffle with zero added work. */
  def maxRecordsPerFile(approxRowBytes: Long, t: Targets = Targets()): Long =
    math.max(1L, math.min(t.maxRowsPerSegment,
      t.maxBytesPerSegment / math.max(1L, approxRowBytes)))

  def renderRecording(r: Recording): String =
    render(JObj.of(
      "segments" -> JInt(r.segments),
      "row_count" -> JInt(r.rowCount),
      "approx_bytes" -> JInt(r.approxBytes),
      "max_rows_per_segment" -> JInt(r.targets.maxRowsPerSegment),
      "max_bytes_per_segment" -> JInt(r.targets.maxBytesPerSegment)))

  def writeRecording(dir: String, r: Recording): Unit = {
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(dir))
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(dir, "segments.json"), renderRecording(r))
  }

  def readRecording(dir: String): Option[Int] = {
    val p = java.nio.file.Paths.get(dir, "segments.json")
    if (!java.nio.file.Files.exists(p)) None
    else "\"segments\":(\\d+)".r.findFirstMatchIn(java.nio.file.Files.readString(p))
      .map(_.group(1).toInt)
  }
}
