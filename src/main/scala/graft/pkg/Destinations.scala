package graft.pkg

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Destination abstraction implementing the commit protocol shape
  * `plan_commit → begin → write → finalize(→Receipt) | abort`
  * (cdf: VISION.md:901-915; destination crates cdf-dest-*).
  *
  * Local formats (Parquet/CSV/NDJSON) are implemented; JDBC-backed
  * destinations (Postgres/SQLite/ClickHouse in the reference) follow
  * the same trait with `df.write.jdbc` + staging-table merge — not
  * constructible in this zero-egress container, so the seam is the
  * deliverable (SURVEY §2.2 mapping column).
  *
  * Replace is ALWAYS write-temp + atomic-swap, never delete-then-
  * insert (cdf VISION.md:927): a reader either sees the old table or
  * the new one, and a crash mid-write leaves the old table intact.
  */
object Destinations {

  sealed trait Format { def write(df: DataFrame, path: String): Unit
    def read(spark: SparkSession, path: String): DataFrame }
  object Format {
    case object Parquet extends Format {
      def write(df: DataFrame, path: String): Unit = df.write.mode("overwrite").parquet(path)
      def read(spark: SparkSession, path: String): DataFrame = spark.read.parquet(path)
    }
    case object Csv extends Format {
      def write(df: DataFrame, path: String): Unit =
        df.write.mode("overwrite").option("header", "true").csv(path)
      def read(spark: SparkSession, path: String): DataFrame =
        spark.read.option("header", "true").option("inferSchema", "true").csv(path)
    }
    case object Ndjson extends Format {
      def write(df: DataFrame, path: String): Unit = df.write.mode("overwrite").json(path)
      def read(spark: SparkSession, path: String): DataFrame = spark.read.json(path)
    }
    case object Orc extends Format {
      def write(df: DataFrame, path: String): Unit = df.write.mode("overwrite").orc(path)
      def read(spark: SparkSession, path: String): DataFrame = spark.read.orc(path)
    }
  }

  /** Replace-by-swap with no missing-table window: `stage` writes the
    * new generation into `<path>.__swap`; the current table is moved
    * ASIDE to `<path>.__old` (rename, atomic on HDFS/posix), the new
    * generation is moved into place, then the old one is deleted. A
    * crash between the two renames leaves `<path>.__old` intact for
    * recovery — a reader sees the old table or the new one, never an
    * absent one (cdf VISION.md:927 "never delete-then-insert"). */
  def swap(spark: SparkSession, path: String)(stage: String => Unit): Unit = {
    val tmp = new Path(s"$path.__swap")
    val dest = new Path(path)
    val old = new Path(s"$path.__old")
    val fs = dest.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(tmp, true) // clear any leftover from a prior crash
    stage(tmp.toString)
    fs.delete(old, true)
    val hadPrior = fs.exists(dest)
    if (hadPrior) require(fs.rename(dest, old), s"swap failed: could not move $dest aside")
    require(fs.rename(tmp, dest), s"swap failed: could not move $tmp into place")
    if (hadPrior) fs.delete(old, true)
  }

  /** Atomic replace of the table at `path` with `df`, through [[swap]]. */
  def replaceBySwap(df: DataFrame, path: String, fmt: Format): Unit =
    swap(df.sparkSession, path)(fmt.write(df, _))

  /** Write + receipt + verify probe in one step: the receipt records
    * what the destination durably holds, and the probe re-reads the
    * destination to confirm before any ledger commit. */
  def commitWithReceipt(df: DataFrame, path: String, fmt: Format): PackageWriter.Receipt = {
    replaceBySwap(df, path, fmt)
    val back = fmt.read(df.sparkSession, path)
    val receipt = PackageWriter.Receipt(s"${fmt.getClass.getSimpleName.stripSuffix("$")}:$path",
      back.count(), PackageWriter.contentHash(back))
    require(PackageWriter.verifyReceipt(fmt.read(df.sparkSession, path), receipt),
      s"receipt verify failed for $path")
    receipt
  }
}
