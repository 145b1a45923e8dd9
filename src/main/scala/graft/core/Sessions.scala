package graft.core

import org.apache.spark.sql.SparkSession

/** Single place for session construction so Verify / Bench / tests get
  * identical semantics.
  *
  * - UTC session timezone (cdf fidelity rule: timestamps keep their
  *   zone story, VISION.md:391-397).
  * - `nanosAsLong`: the testdata `events.ts` column is parquet
  *   TIMESTAMP(NANOS), which Spark cannot represent natively; we read
  *   it as BIGINT nanoseconds and convert explicitly — truncation to
  *   micros is then a visible, deterministic `DIV 1000`, matching the
  *   reference's plan-visible coercion discipline (SURVEY §1.2).
  * - AQE on: runtime shuffle coalescing + skew-join handling are the
  *   100 TB story for every shuffle we emit.
  * - `file:` is [[NioLocalFileSystem]] (FileSystem API) and
  *   [[NioLocalFs]] (FileContext, which Structured Streaming's
  *   checkpoint files use). Hadoop has no native IO library here, so the
  *   stock local file system forks `chmod` for every file and directory
  *   a write creates and `readlink` for every FileContext rename; these
  *   do both through java.nio, so the mkdirs, creates and renames of a
  *   package write, a landing or a checkpoint commit start no process
  *   (`LocalFsSpec` guards it). The implicit `file:` class was
  *   Hive's `ProxyLocalFileSystem` (registered by `hive-exec`'s service
  *   file), a stock `LocalFileSystem` underneath.
  */
object Sessions {
  def local(cores: String, shufflePartitions: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graft")
      .config("spark.sql.shuffle.partitions", shufflePartitions)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.hadoop.fs.file.impl", classOf[NioLocalFileSystem].getName)
      .config("spark.hadoop.fs.AbstractFileSystem.file.impl", classOf[NioLocalFs].getName)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Run `body` with streaming-sized runtime confs (r16: each one
    * measured per cell by a conf A/B, see OPTIMIZATION_r16.md item 4).
    *
    * - shuffle.partitions (= state-partition count): stateful streaming
    *   queries pay per-micro-batch fixed cost PER STATE PARTITION
    *   (store open/commit/snapshot × partitions × batches); the
    *   catalog's drain fixtures are driver-fed MemoryStreams, so 32
    *   partitions buy nothing and multiply the fixed cost. 4 keeps
    *   state genuinely distributed (and the results are partition-
    *   count invariant — the oracle gate reruns at several core
    *   counts; only the wall changes). On a real cluster, size state
    *   partitions to executor count.
    * - noDataMicroBatches off: Spark schedules an EXTRA empty batch
    *   after every data batch to advance the watermark eagerly; these
    *   fixtures drive watermark movement with their own feed (sentinel
    *   flush rounds where eviction timing matters), so the empty
    *   batches only double the per-batch state-commit bill. Results
    *   are identical — the same rows emit, one batch later — and the
    *   oracle gate verifies that.
    * - minBatchesToRetain=2 (default 100): checkpoint GC keeps 2
    *   batches of state/offset/commit files instead of 100 — these
    *   drain-and-stop fixtures never restart mid-stream, and a real
    *   deployment tunes retention to its recovery SLA. */
  def withStreamingShuffle[T](s: SparkSession)(body: => T): T =
    withConfs(s, Seq(
      "spark.sql.shuffle.partitions" -> "4",
      "spark.sql.streaming.noDataMicroBatches.enabled" -> "false",
      "spark.sql.streaming.minBatchesToRetain" -> "2"))(body)

  /** Run `body` with `confs` set, then give each key back the value (or
    * the absence) it had before, also when `body` throws. */
  def withConfs[T](s: SparkSession, confs: Seq[(String, String)])(body: => T): T = {
    val prev = confs.map { case (k, _) => k -> s.conf.getOption(k) }
    confs.foreach { case (k, v) => s.conf.set(k, v) }
    try body finally prev.foreach {
      case (k, Some(v)) => s.conf.set(k, v)
      case (k, None) => s.conf.unset(k)
    }
  }
}
